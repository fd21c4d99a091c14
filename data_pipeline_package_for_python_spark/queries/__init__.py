"""The SURVEY §2.2 correctness catalog.

Importing this package populates ``QUERIES``: every module below registers
its (spark implementation, DuckDB oracle SQL) pairs via the ``@query``
decorator.  ``__spark_entry__.py`` re-exports this registry as the driver
contract.  ``QUERIES`` iterates in registration order: module by module
in the import order below, then ``zz_canary``.
"""

from pyspark.sql import functions as F

from ._registry import QUERIES, Query, load, query  # noqa: F401

# llm before dsl: dsl_retrieval_bridge reuses search_hybrid_rrf's oracle.
from . import (  # noqa: F401
    llm,
    dsl,
    relational,
    udfs,
    streaming,
    timeseries,
    analytics,
    functionslib,
    tpch_extra,
    graph_extra,
    sql_surface,
)


@query("zz_canary", oracle="SELECT count(*) AS n_regions FROM region")
def zz_canary(spark, sf_dir):
    """Sweep canary, registered after every module above, so it is the
    last entry of ``QUERIES``: a sweep that reports it reached the end
    of the registry."""
    return load(spark, sf_dir, "region").agg(
        F.count(F.lit(1)).alias("n_regions")
    )


__all__ = ["QUERIES", "Query", "query"]
