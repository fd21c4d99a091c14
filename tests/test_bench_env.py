"""``bench.py`` reports the compute environment its numbers ran on."""

from __future__ import annotations

import bench
from data_pipeline_package_for_python_spark.session import (
    _default_parallelism,
)


def test_session_env_reports_effective_cores(spark):
    env = bench.session_env(spark)
    assert env["master"] == spark.sparkContext.master
    # get_spark sizes local[N] from SPARK_GRAFT_CPUS, else the host's cores
    assert env["cpus"] == _default_parallelism()
    assert env["shuffle_partitions"] > 0
    assert env["default_parallelism"] == spark.sparkContext.defaultParallelism
