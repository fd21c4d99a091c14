"""Skew mitigation helpers (SURVEY §4.2: "engine exposes repartition/salting
helper for pathological keys").

AQE's skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
default in our session factory) handles most skew at runtime; explicit
salting remains necessary for skewed *aggregations* and for joins where one
hot key dominates an entire executor.

Top-k per group needs no hand-built phases while k is small: Spark's
``InferWindowGroupLimit`` rule turns a ``row_number() <= k`` filter into a
``WindowGroupLimit`` pair — ``Partial`` below the exchange, ``Final`` above
it — as long as k is at most ``spark.sql.optimizer.windowGroupLimitThreshold``
(1000 by default).  Each map partition then ships at most groups × k rows,
however few the groups; :func:`topk_per_group` is that plan.  Above the
threshold Spark plans no partial limit and a low-cardinality group sorts
all its rows on one reducer; :func:`salted_topk_per_group` is for caps the
caller chooses and that can exceed it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "explode_salt_join",
    "salted_groupby_agg",
    "salted_topk_per_group",
    "topk_per_group",
]


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    *,
    rank_col: str | None = None,
) -> DataFrame:
    """The first ``k`` rows of every group in ``order_cols`` order.

    One ``row_number()`` window plus the ``<= k`` filter.  For k up to
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by default)
    Spark's ``InferWindowGroupLimit`` plans a ``WindowGroupLimit Partial``
    before the exchange and a ``Final`` after it, so each map partition
    ships at most groups × k rows: the local-top-k-then-merge shape, with
    no salt and no Python.  For a larger k use
    :func:`salted_topk_per_group`.

    ``order_cols`` are column names or expressions (``F.col(c).desc()``,
    computed keys); make them a total order (add a tie-break key) for a
    deterministic result.  With ``rank_col`` the row number stays as that
    column (1..k); otherwise the output has ``df``'s columns.
    """
    rn = rank_col or "__rn"
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    out = df.withColumn(rn, F.row_number().over(w)).filter(F.col(rn) <= k)
    return out if rank_col else out.drop(rn)


def salted_topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    *,
    salt_buckets: int = 32,
) -> DataFrame:
    """Top-k rows per group when k can exceed Spark's window group limit.

    For ``k <= spark.sql.optimizer.windowGroupLimitThreshold`` (1000 by
    default) use :func:`topk_per_group`: Spark limits each group map-side
    itself.  Above it Spark plans no partial limit, so a plain
    ``row_number().over(partitionBy(group))`` with, say, 5 distinct groups
    serializes the entire table through 5 reducers — at 100 TB that is 5
    sort tasks of 20 TB each.  This runs two balanced phases instead:

    1. window over ``(group, salt)`` — every bucket sorts ~1/salt_buckets
       of its group and keeps its local top-k;
    2. window over ``group`` on the surviving ``groups × buckets × k``
       rows (tiny by construction) for the exact global per-group top-k.

    Exact, not approximate: any row in the global top-k is in its
    bucket's top-k, so phase 1 never discards a winner.  ``order_cols``
    must be a total order (include a tie-break key) for deterministic
    output.  The salt is the input partition id (free, already balanced,
    no ``rand()``), so the plan stays deterministic for a deterministic
    scan.  Its one caller is ``etl.cap_per_group``, whose cap is the
    caller's choice.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
    )
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy(*order_cols)
    survivors = (
        salted.withColumn("__rn1", F.row_number().over(w1))
        .filter(F.col("__rn1") <= k)
        .drop("__rn1", "__salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        survivors.withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def salted_groupby_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, str],
    *,
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    Phase 1 groups on (keys + random salt) so a hot key's rows spread over
    ``salt_buckets`` reducers; phase 2 re-aggregates the partials.  Only
    decomposable aggregates are supported: sum, count, min, max.

    At 100 TB a single hot key (e.g. one dominant language in a documents
    table) can put >1 executor-memory of rows on one reducer; this caps the
    per-reducer volume at 1/salt_buckets of the hot key.
    """
    supported = {"sum", "count", "min", "max"}
    bad = {a for a in aggs.values() if a not in supported}
    if bad:
        raise ValueError(f"non-decomposable aggregates for salting: {bad}")

    salted = df.withColumn("__salt", (F.rand(seed=42) * salt_buckets).cast("int"))
    partial_exprs = []
    for col, agg in aggs.items():
        if agg == "count":
            partial_exprs.append(F.count(col).alias(f"__p_{col}"))
        else:
            partial_exprs.append(getattr(F, agg)(col).alias(f"__p_{col}"))
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)

    final_exprs = []
    for col, agg in aggs.items():
        merge = "sum" if agg in ("sum", "count") else agg
        final_exprs.append(getattr(F, merge)(f"__p_{col}").alias(f"{agg}_{col}"))
    return partial.groupBy(*keys).agg(*final_exprs)


def explode_salt_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Salted equi-join: salt the skewed (large) side randomly, explode the
    small side once per salt value, join on (key, salt).  Row-multiplies the
    small side by ``salt_buckets`` — only use when `small` is genuinely
    small and the key distribution on `skewed` is pathological."""
    salted_big = skewed.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    exploded_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_big.join(exploded_small, [on, "__salt"], how)
    return out.drop("__salt")
