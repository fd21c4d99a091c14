"""JDBC tests (SURVEY §2.2.1 optional row) — LIVE against the Derby
engine embedded in Spark's own distribution (derby*.jar ships in
pyspark/jars), so the round-trip, partitioned parallel read, and
append/overwrite modes are exercised for real; no external server or
extra jar needed.
"""

import pytest

from data_pipeline_package_for_python_spark.sources import read_jdbc, write_jdbc

DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby_url(tmp_path) -> str:
    return f"jdbc:derby:{tmp_path / 'db'};create=true"


def test_read_jdbc_requires_bounds_with_partition_column(spark):
    with pytest.raises(ValueError, match="lower_bound"):
        read_jdbc(
            spark,
            "jdbc:postgresql://db/x",
            "orders",
            partition_column="o_orderkey",
        )


def test_jdbc_roundtrip_embedded_derby(spark, sf_dir, tmp_path):
    url = _derby_url(tmp_path)
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    write_jdbc(src, url, "region_t", mode="overwrite", properties=DERBY_PROPS)
    back = read_jdbc(spark, url, "region_t", properties=DERBY_PROPS)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in src.collect()
    )


def test_jdbc_partitioned_parallel_read(spark, sf_dir, tmp_path):
    """The scale shape: bounds + numPartitions must produce N range
    predicates (N input partitions), same rows as the serial read."""
    url = _derby_url(tmp_path)
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    write_jdbc(src, url, "nation_t", mode="overwrite", properties=DERBY_PROPS)
    part = read_jdbc(
        spark, url, "nation_t",
        partition_column="n_nationkey",
        lower_bound=0, upper_bound=25, num_partitions=3,
        properties=DERBY_PROPS,
    )
    assert part.rdd.getNumPartitions() == 3
    assert part.count() == src.count()


def test_jdbc_append_mode_accumulates(spark, sf_dir, tmp_path):
    url = _derby_url(tmp_path)
    src = spark.read.parquet(f"{sf_dir}/region.parquet")
    write_jdbc(src, url, "acc_t", mode="overwrite", properties=DERBY_PROPS)
    write_jdbc(src, url, "acc_t", mode="append", properties=DERBY_PROPS)
    back = read_jdbc(spark, url, "acc_t", properties=DERBY_PROPS)
    assert back.count() == 2 * src.count()
