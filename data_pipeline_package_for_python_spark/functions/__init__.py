"""Scalar function surface (SURVEY §2.2.7) — the engine's curated facade
over ``pyspark.sql.functions``.

The reference has no function library at all (its values are opaque Python
objects, /root/reference/dpp.py:178, and every computation is a user
callable) — this module IS the declared surface that replaces "bring your
own lambda" with JVM-side, codegen-friendly column expressions.

Design rules:
- Everything re-exported here is a built-in Column expression — it stays
  inside WholeStageCodegen and never crosses the Python boundary.  UDFs
  live in §2.2.8 and are deliberately NOT in this namespace: importing from
  here is an assertion that the hot path is JVM-only.
- ``FAMILIES`` maps each §2.2.7 family to its exported names so coverage is
  introspectable (tests assert every name resolves).
- A few composed helpers (exact decimal sums, null-safe division, epoch
  bucketing) encode cross-engine determinism rules once, instead of every
  call site rediscovering float-summation order or divide-by-zero quirks.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ------------------------------------------------------------------ #
# re-exported built-ins, grouped by SURVEY §2.2.7 family             #
# ------------------------------------------------------------------ #

FAMILIES: dict[str, tuple[str, ...]] = {
    "string": (
        "concat", "concat_ws", "substring", "upper", "lower", "initcap",
        "trim", "ltrim", "rtrim", "lpad", "rpad", "length", "split",
        "regexp_extract", "regexp_extract_all", "regexp_replace",
        "regexp_count", "instr", "locate", "startswith", "endswith",
        "contains", "translate", "format_string", "repeat", "reverse",
    ),
    "datetime": (
        "year", "month", "dayofmonth", "dayofweek", "dayofyear", "hour",
        "minute", "second", "date_add", "date_sub", "datediff",
        "months_between", "add_months", "trunc", "date_trunc", "to_date",
        "to_timestamp", "date_format", "unix_timestamp", "last_day",
        "next_day", "weekofyear", "quarter", "make_date", "timestamp_micros",
        "unix_micros",
    ),
    "math": (
        "abs", "round", "bround", "ceil", "floor", "sqrt", "cbrt", "exp",
        "log", "log10", "log2", "ln", "pow", "pmod", "signum", "greatest",
        "least", "sin", "cos", "tan", "atan2", "degrees", "radians",
    ),
    "null": ("coalesce", "nvl", "ifnull", "nullif", "isnan", "isnull",
             "isnotnull", "nanvl"),
    "conditional": ("when", "expr", "lit"),
    "array": (
        "array", "array_contains", "array_distinct", "array_sort",
        "array_min", "array_max", "array_position", "array_remove",
        "array_union", "array_intersect", "array_except", "array_compact",
        "arrays_zip", "size", "slice", "element_at", "flatten", "sequence",
        "sort_array", "explode", "explode_outer", "posexplode",
        "posexplode_outer", "transform", "filter", "aggregate", "exists",
        "forall", "zip_with",
    ),
    "map": (
        "create_map", "map_keys", "map_values", "map_entries", "map_concat",
        "map_from_entries", "map_from_arrays", "map_filter", "map_zip_with",
        "transform_keys", "transform_values",
    ),
    "json": ("get_json_object", "from_json", "to_json", "json_tuple",
             "schema_of_json"),
    "struct": ("struct", "named_struct", "inline", "inline_outer"),
    "hash": ("sha1", "sha2", "md5", "xxhash64", "crc32", "hash",
             "monotonically_increasing_id"),
    "agg": (
        "count", "countDistinct", "count_distinct", "sum", "avg", "mean",
        "min", "max", "sum_distinct", "first", "last", "any_value",
        "approx_count_distinct", "stddev", "stddev_samp", "stddev_pop",
        "variance", "var_samp", "var_pop", "corr", "covar_samp", "covar_pop",
        "skewness", "kurtosis", "percentile", "percentile_approx", "median",
        "mode", "collect_list", "collect_set", "grouping", "grouping_id",
    ),
    "window": (
        "row_number", "rank", "dense_rank", "ntile", "percent_rank",
        "cume_dist", "lag", "lead", "nth_value", "first_value", "last_value",
        "window", "session_window",
    ),
    "misc": ("broadcast", "col", "column", "asc", "desc", "cast",
             "format_number", "conv", "bin", "hex", "unhex", "base64",
             "unbase64", "encode", "decode", "bit_length", "octet_length"),
}

_missing = [
    n for names in FAMILIES.values() for n in names if not hasattr(F, n)
]
if _missing:  # pragma: no cover — guards against Spark version drift
    raise ImportError(
        f"pyspark.sql.functions lacks expected names: {_missing}"
    )

for _names in FAMILIES.values():
    for _n in _names:
        globals()[_n] = getattr(F, _n)


# ------------------------------------------------------------------ #
# engine-composed helpers                                            #
# ------------------------------------------------------------------ #

def exact_sum(col: str | Column, scale: int = 2) -> Column:
    """Order-independent SUM for decimal-valued columns stored as double.

    Raw double summation is shuffle-order dependent (last-ulp drift between
    runs and engines).  Casting to DECIMAL(18, scale) before summing makes
    the aggregation exact, hence deterministic under any partitioning —
    the property every distributed rerun and every cross-engine comparison
    needs.  Result surfaces as double.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def null_safe_div(num: Column, den: Column) -> Column:
    """num/den with NULL (not error, not Inf) on a zero denominator."""
    return F.when(den != 0, num / den)


def epoch_bucket(ts: str | Column, seconds: int) -> Column:
    """Event-time bucketing to epoch-aligned windows of ``seconds`` —
    the batch twin of ``F.window(ts, ...)``'s window start."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.timestamp_seconds(
        (F.unix_timestamp(c) / seconds).cast("long") * seconds
    )


def bucketed(col: str | Column, n: int) -> Column:
    """Stable hash-bucket id in [0, n) — the engine's standard way to
    derive a co-partitioning / salting key (xxhash64 is consistent across
    executors and runs, unlike python ``hash``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.pmod(F.xxhash64(c), F.lit(n))


__all__ = (
    [n for names in FAMILIES.values() for n in names]
    + [
        "FAMILIES",
        "exact_sum",
        "null_safe_div",
        "epoch_bucket",
        "bucketed",
    ]
)
