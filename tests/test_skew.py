"""Skew-mitigation operators: salted results must equal unsalted results.

Salting changes the PHYSICAL distribution only — every test here asserts
exact logical equivalence against the naive single-phase formulation;
so do the ``topk_per_group`` tests, whose map-side limit Spark plans.
"""

import pyspark.sql.functions as F
from pyspark.sql import Window

from data_pipeline_package_for_python_spark.operators.skew import (
    explode_salt_join,
    salted_groupby_agg,
    salted_topk_per_group,
    topk_per_group,
)


def _plain_topk(df, group_cols, order, k):
    """The naive formulation: rank every row, keep rank ≤ k."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )


def _rows(df, cols):
    return sorted(map(tuple, df.select(*cols).collect()))


def test_salted_topk_equals_plain_window(spark, tables):
    j = (
        tables["orders"]
        .join(
            F.broadcast(tables["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    salted = salted_topk_per_group(
        j, ["c_mktsegment"], order, 3, salt_buckets=7
    )
    plain = _plain_topk(j, ["c_mktsegment"], order, 3)
    key = ["c_mktsegment", "o_orderkey"]
    assert _rows(salted, key) == _rows(plain, key)
    # schema passes through untouched (no leaked __salt/__rn columns)
    assert salted.columns == j.columns


def test_topk_equals_plain_window(spark, tables):
    """k smaller than every group: ~30 orders per segment at sf0.001."""
    j = (
        tables["orders"]
        .join(
            F.broadcast(tables["customer"]),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
    )
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    out = topk_per_group(j, ["c_mktsegment"], order, 3)
    assert _rows(out, j.columns) == _rows(
        _plain_topk(j, ["c_mktsegment"], order, 3), j.columns
    )
    assert out.count() == 15


def test_topk_k_larger_than_group(spark, tables):
    small = tables["nation"].select("n_regionkey", "n_name", "n_nationkey")
    order = [F.col("n_nationkey")]
    out = topk_per_group(small, ["n_regionkey"], order, 100)
    assert _rows(out, small.columns) == _rows(small, small.columns)


def test_topk_computed_order_expression(spark, tables):
    """Order keys may be expressions, not only column names."""
    docs = tables["documents"].select("doc_id", "source")
    order = [F.md5(F.col("doc_id").cast("string")), F.col("doc_id")]
    out = topk_per_group(docs, ["source"], order, 4)
    assert _rows(out, docs.columns) == _rows(
        _plain_topk(docs, ["source"], order, 4), docs.columns
    )


def test_topk_rank_col_is_the_row_number(spark, tables):
    j = tables["orders"].select("o_orderstatus", "o_orderkey", "o_totalprice")
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    out = topk_per_group(j, ["o_orderstatus"], order, 5, rank_col="rank")
    assert out.columns == j.columns + ["rank"]
    plain = _plain_topk(j, ["o_orderstatus"], order, 5)
    assert _rows(out, out.columns) == _rows(plain, plain.columns)


def test_topk_leaves_no_helper_column(spark, tables):
    j = tables["orders"].select("o_orderstatus", "o_orderkey")
    out = topk_per_group(j, ["o_orderstatus"], [F.col("o_orderkey")], 2)
    assert out.columns == j.columns


def test_salted_topk_k_larger_than_group(spark, tables):
    small = tables["nation"].select("n_regionkey", "n_name", "n_nationkey")
    out = salted_topk_per_group(
        small, ["n_regionkey"], [F.col("n_nationkey")], 100, salt_buckets=4
    )
    assert out.count() == small.count()


def test_salted_groupby_agg_equals_plain(spark, tables):
    li = tables["lineitem"].select("l_returnflag", "l_quantity")
    salted = salted_groupby_agg(
        li,
        ["l_returnflag"],
        {"l_quantity": "sum"},
        salt_buckets=8,
    ).withColumnRenamed("sum_l_quantity", "s")
    plain = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("s"))
    a = {r.l_returnflag: r.s for r in salted.collect()}
    b = {r.l_returnflag: r.s for r in plain.collect()}
    assert a == b


def test_explode_salt_join_equals_plain(spark, tables):
    o = tables["orders"].select("o_custkey", "o_orderkey")
    c = tables["customer"].select("c_custkey", "c_mktsegment").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    salted = explode_salt_join(o, c, "o_custkey", salt_buckets=5)
    plain = o.join(c, "o_custkey")
    assert salted.count() == plain.count()
    assert sorted(salted.columns) == sorted(plain.columns)
