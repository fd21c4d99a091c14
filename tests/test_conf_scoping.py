"""Library code never flips SQL conf on a caller's shared session.

A temporary override runs in a per-call session clone
(``operators._util.conf_session``) and the frame is re-planned there
(``rebind``); these tests pin that a neighbouring driver thread keeps
its plans, that the clone really carries the override, and that no new
``conf.set`` / ``conf.unset`` site creeps into the package.
"""

from __future__ import annotations

import ast
import os
import re
import threading

import pyspark.sql.functions as F

from data_pipeline_package_for_python_spark.operators import similarity as S
from data_pipeline_package_for_python_spark.operators._util import (
    conf_session,
    rebind,
)

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "data_pipeline_package_for_python_spark",
)

# (file under the package, enclosing function) of every place allowed to
# write a session's conf: the clone's own overrides, the UTC pin (a session
# invariant, set once and never restored) and the bucketed-scan ordering
# flag pair (it must be live when the consumers' joins plan in the
# caller's session)
ALLOWED = {
    ("operators/_util.py", "conf_session"),
    ("queries/_registry.py", "load"),
    ("queries/relational.py", "bucketed_order_tables"),
    ("queries/relational.py", "release_bucketed_order_tables"),
}
_WRITE = re.compile(r"\bconf\.(set|unset)\(")


def _conf_writes():
    """(relative path, enclosing function, line number, source lines)."""
    for root, _dirs, files in os.walk(PKG):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            src = open(path, encoding="utf-8").read()
            lines = src.splitlines()
            spans = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(ast.parse(src))
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            for i, line in enumerate(lines, 1):
                if _WRITE.search(line.split("#", 1)[0]):
                    # innermost function containing the line
                    owner = min(
                        (s for s in spans if s[0] <= i <= s[1]),
                        key=lambda s: s[1] - s[0],
                        default=(0, 0, "<module>"),
                    )[2]
                    yield rel, owner, i, lines


def test_only_allowed_sites_write_session_conf():
    sites = list(_conf_writes())
    stray = [
        (rel, fn, i) for rel, fn, i, _ in sites if (rel, fn) not in ALLOWED
    ]
    assert not stray, f"conf writes outside the allowed sites: {stray}"
    assert {(rel, fn) for rel, fn, _, _ in sites} == ALLOWED
    for rel, fn, i, lines in sites:
        # each allowed write says why, on its line or just above it
        window = lines[max(0, i - 8):i]
        assert any("#" in line for line in window), (rel, fn, i)


def _agg_plans_without_aqe(spark, stop: threading.Event) -> tuple[int, int]:
    n = missing = 0
    while not stop.is_set():
        plan = (
            spark.range(64).groupBy((F.col("id") % 7).alias("g")).count()
            ._jdf.queryExecution().executedPlan().toString()
        )
        n += 1
        missing += "AdaptiveSparkPlan" not in plan
    return n, missing


def test_kmeans_update_leaves_neighbour_plans_adaptive(spark, tables):
    # thread A runs the k-means (its update collect runs with AQE off);
    # thread B plans aggregates on the same session meanwhile — every one
    # of B's plans must still be adaptive
    stop = threading.Event()
    result: dict = {}

    def neighbour():
        result["b"] = _agg_plans_without_aqe(spark, stop)

    t = threading.Thread(target=neighbour)
    t.start()
    try:
        S.kmeans_embeddings_exact(tables["embeddings"], k=8, iterations=10)
    finally:
        stop.set()
        t.join()
    n, missing = result["b"]
    assert n > 0
    assert missing == 0, f"{missing} of {n} neighbour plans lost AQE"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_kmeans_update_is_one_job_per_iteration(spark, tables):
    # the per-iteration k×d update collect is ONE job only with AQE off
    # (AQE splits it into a shuffle-stage job plus the result job), so the
    # job delta between 4 and 3 iterations proves the clone's override
    # reaches execution
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    emb = tables["embeddings"]

    def jobs(iterations: int) -> int:
        first = dag.nextJobId()
        S.kmeans_embeddings_exact(emb, k=8, iterations=iterations)
        return dag.nextJobId() - first

    assert jobs(4) - jobs(3) == 1


def test_conf_session_overrides_only_the_clone(spark):
    key = "spark.sql.shuffle.partitions"
    parent = spark.conf.get(key)
    child = conf_session(spark, **{key: "3"})
    assert child.conf.get(key) == "3"
    assert spark.conf.get(key) == parent
    # the clone copies the caller's temp views; rebind carries a frame
    # bound to a clone-only view back to the caller
    spark.range(4).createOrReplaceTempView("dpp_conf_scope_parent")
    child = conf_session(spark)
    assert child.table("dpp_conf_scope_parent").count() == 4
    child.range(2).createOrReplaceTempView("dpp_conf_scope_child")
    back = rebind(child.table("dpp_conf_scope_child"), spark)
    assert back.sparkSession is spark and back.count() == 2
    assert "dpp_conf_scope_child" not in {
        t.name for t in spark.catalog.listTables()
    }
    spark.catalog.dropTempView("dpp_conf_scope_parent")
    # building the Python clone must not re-point rdd.toDF() at it
    df = spark.sparkContext.parallelize([(1,)]).toDF(["a"])
    assert df.sparkSession is spark
